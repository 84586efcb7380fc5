package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only the named queries (dev spot-checks)
    val only = args.drop(2).toSet
    val spark = GraftSession.get()
    // A SUBSET run re-trains this JVM's trained-family artifacts
    // (IVF/PQ/classifier), which need not bit-match the trainings an
    // EXISTING full dump's oracle JSON interpolates — overwriting its
    // per-query parquet would desync parquet from oracle and produce
    // false FAILs. Refuse outright: subset runs take a fresh outDir.
    if (only.nonEmpty && Files.exists(Paths.get(s"$outDir/oracle_sql.json"))) {
      System.err.println(s"[verify] refusing subset run into $outDir: " +
        "it already holds a full dump (oracle_sql.json present); " +
        "point subset runs at a fresh outDir")
      spark.stop()
      sys.exit(2)
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string: a control char in builder-authored SQL would
    // otherwise make the driver's json.load fail
    def q(s: String): String = "\"" + graft.sources.Spool.jsonEscape(s) + "\""
    // A SUBSET run (non-empty `only`) must not clobber a full dump's
    // oracle JSONs: the trained-family SQL (IVF/PQ/classifier)
    // interpolates THIS JVM's trainings, which need not match the
    // existing full dump's. Subset runs write *.partial.json instead
    // — check.py reads only the canonical names, so the documented
    // backup-and-merge footgun is structurally impossible.
    val suffix = if (only.isEmpty) ".json" else ".partial.json"
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql$suffix"), json)
    // volume-campaign ALT oracles (check.py --alts); driver ignores
    val altJson = SparkEntry.oracleAltSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_alt$suffix"), altJson)
    // release the stores' blocks and delete their index directories
    graft.operators.SessionStore.clear()
    spark.stop()
  }
}

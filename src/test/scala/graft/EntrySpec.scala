package graft

/** Driver-contract smoke: every declared query runs and every oracle
  * key has a query (the inverse is allowed — rows-only checks). */
class EntrySpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query runs non-empty at sf0.001") {
    val empty = SparkEntry.queries.collect {
      case (name, fn) if fn(spark, sf).limit(1).count() == 0 => name
    }
    assert(empty.isEmpty, s"empty results: $empty")
  }

  test("no BUILT oracle string carries a double-escaped regex class") {
    // The same source literal (`\\b`) reaches DuckDB as either `\b`
    // (s-interpolated string) or a dead `\\b` (plain triple-quoted
    // string) depending on enclosing syntax — r20's t_corpus_stats
    // regression. DuckDB sees the BUILT string, so scan that: a
    // two-backslash prefix on a regex class char is always a bug here
    // (no oracle legitimately matches a literal backslash).
    val classes = "bBsSdDwW".map(c => "\\\\" + c)
    val bad = (SparkEntry.oracleSql ++ SparkEntry.oracleAltSql).collect {
      case (name, sql) if classes.exists(sql.contains) =>
        name -> classes.filter(sql.contains).mkString(",")
    }
    assert(bad.isEmpty, s"double-escaped regex class in built oracle: $bad")
  }

  test("Tables.normalizeEvents handles every ts parquet annotation") {
    // The test-data generator has drifted between INT64 TIMESTAMP(NANOS)
    // (surfaced as LongType via nanosAsLong) and TIMESTAMP_MICROS
    // isAdjustedToUTC=false (surfaced as TIMESTAMP_NTZ). Guard: write
    // events with each annotation, read back through Tables, and demand
    // the identical (ts_ms, ts) normalization from all of them — so the
    // next generator drift fails HERE with a clear message instead of
    // breaking 41 gate queries at analysis.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val tmp = tempDir("graft_ts").toString
    val baseNanos = Seq(
      (1L, 1700000000123456789L, 10L, "page", 1.0, "{}"),
      (2L, 1700000123999999999L, 11L, "click", 2.0, "{}"))
    val nanosDf = spark.createDataFrame(baseNanos)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dirs = Map(
      "long_nanos" -> nanosDf,
      "ts_ntz" -> nanosDf.withColumn(
        "ts", timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType)),
      "ts_utc" -> nanosDf.withColumn(
        "ts", timestamp_micros(expr("ts div 1000"))))
    val results = dirs.map { case (label, df) =>
      df.write.mode("overwrite").parquet(s"$tmp/$label/events.parquet")
      val read = sources.Tables.events(spark, s"$tmp/$label")
      assert(read.schema("ts").dataType == TimestampType,
        s"$label: ts must normalize to TimestampType")
      label -> read.select("event_id", "ts_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    val expected = baseNanos.map(r => (r._1, r._2 / 1000000L))
    results.foreach { case (label, got) =>
      assert(got == expected, s"$label: ts_ms drifted: $got vs $expected")
    }
  }

  test("multimodal decode stub emits plausible features") {
    val feats = graft.operators.Multimodal.features(
      spark.read.parquet(s"$sf/documents.parquet"))
    val r = feats.agg(
      org.apache.spark.sql.functions.min("byte_len"),
      org.apache.spark.sql.functions.max("mean_byte")).head()
    assert(r.getInt(0) == 16) // md5 payload = 16 bytes
    assert(r.getDouble(1) <= 255.0)
  }
}

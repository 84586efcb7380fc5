package graft

import graft.sources.{HighWaterMark, Tables}

class HighWaterMarkSpec extends SparkSpec {

  private def tmpDir(): String =
    tempDir("graft_hwm").toString

  test("successive polls advance disjoint contiguous windows") {
    val dir = tmpDir()
    val ev = Tables.events(spark, sf)
    val lo = 1704844800000L // 2024-01-10T00:00:00Z
    val day = 86400000L
    val ceiling = lo + 3 * day

    def onePoll(): Option[(Long, Long, Long)] =
      HighWaterMark.poll(dir, "camunda", ev, "ts_ms", lo, day, ceiling) { w =>
        val agg = w.agg(
          org.apache.spark.sql.functions.min("ts_ms"),
          org.apache.spark.sql.functions.max("ts_ms"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1))).collect()(0)
        (agg.getLong(0), agg.getLong(1), agg.getLong(2))
      }

    val Some((min1, max1, n1)) = onePoll()
    val Some((min2, max2, n2)) = onePoll()
    assert(n1 > 0 && n2 > 0)
    // disjoint, contiguous, ordered: window 2 starts after window 1
    assert(min1 >= lo && max1 < lo + day)
    assert(min2 >= lo + day && max2 < lo + 2 * day)
    assert(HighWaterMark.read(dir, "camunda").contains(lo + 2 * day))
    // third poll reaches the ceiling; fourth is a no-op (caught up)
    assert(onePoll().isDefined)
    assert(onePoll().isEmpty)
    assert(HighWaterMark.read(dir, "camunda").contains(ceiling))
  }

  test("a crash between extract and commit replays the same window") {
    val dir = tmpDir()
    val ev = Tables.events(spark, sf)
    val lo = 1704844800000L
    val day = 86400000L

    // consumer dies mid-poll: mark must NOT advance
    intercept[RuntimeException] {
      HighWaterMark.poll(dir, "camunda", ev, "ts_ms", lo, day, lo + 2 * day) {
        _ => throw new RuntimeException("crash before commit")
      }
    }
    assert(HighWaterMark.read(dir, "camunda").isEmpty)

    // restart: the SAME window is planned again (at-least-once)
    val planned = HighWaterMark.plan(dir, "camunda", lo, day, lo + 2 * day)
    assert(planned.contains((lo, lo + day)))
  }

  test("marks are per-source and survive 'restart' (fresh reads from disk)") {
    val dir = tmpDir()
    HighWaterMark.commit(dir, "camunda", 111L)
    HighWaterMark.commit(dir, "pg_audit", 222L)
    assert(HighWaterMark.read(dir, "camunda").contains(111L))
    assert(HighWaterMark.read(dir, "pg_audit").contains(222L))
    // overwrite is atomic and visible
    HighWaterMark.commit(dir, "camunda", 333L)
    assert(HighWaterMark.read(dir, "camunda").contains(333L))
  }
}

package graft

import graft.sinks.AtomicSwapWriter

class AtomicSwapSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    tempDir("graft_swap").toString + "/tbl"

  test("publish swaps atomically; readers only ever see full snapshots") {
    val root = tmpRoot()
    AtomicSwapWriter.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    assert(AtomicSwapWriter.readCurrent(spark, root).count() == 2L)

    // a new load REPLACES the table; the old snapshot's files stay
    // untouched for in-flight readers
    val oldDf = AtomicSwapWriter.readCurrent(spark, root)
    AtomicSwapWriter.publish(Seq((10L, "x")).toDF("id", "v"), root)
    assert(AtomicSwapWriter.readCurrent(spark, root).count() == 1L)
    assert(oldDf.count() == 2L, "pre-swap reader still sees its snapshot")
    assert(AtomicSwapWriter.currentVersion(root).contains(2L))
  }

  test("a crashed load leaves the live table untouched; vacuum sweeps the orphan") {
    val root = tmpRoot()
    AtomicSwapWriter.publish(Seq((1L, "keep")).toDF("id", "v"), root)

    // simulate a crash: snapshot dir written, pointer never committed
    Seq((9L, "half")).toDF("id", "v")
      .write.parquet(java.nio.file.Paths.get(root, "v_99").toString)

    val live = AtomicSwapWriter.readCurrent(spark, root).collect()
    assert(live.map(_.getString(1)).toSeq == Seq("keep"))

    // default grace spares the young orphan — it could be an
    // IN-FLIGHT publish whose pointer commit hasn't landed yet
    assert(AtomicSwapWriter.vacuum(root).isEmpty)

    val removed = AtomicSwapWriter.vacuum(root, minAgeMs = 0L)
    assert(removed.exists(_.endsWith("v_99")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v_99")))
    // live snapshot survives the vacuum
    assert(AtomicSwapWriter.readCurrent(spark, root).count() == 1L)
  }

  test("vacuum removes superseded snapshots, keeps the live one") {
    val root = tmpRoot()
    AtomicSwapWriter.publish(Seq((1L, "a")).toDF("id", "v"), root)
    AtomicSwapWriter.publish(Seq((2L, "b")).toDF("id", "v"), root)
    AtomicSwapWriter.publish(Seq((3L, "c")).toDF("id", "v"), root)
    val removed = AtomicSwapWriter.vacuum(root, minAgeMs = 0L)
    assert(removed.size == 2)
    assert(AtomicSwapWriter.readCurrent(spark, root).collect()
      .map(_.getString(1)).toSeq == Seq("c"))
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sinks.{AtomicSwapWriter, ShardExport}

/** The training-shard export sink: a real corpus goes through
  * shuffle→shard→publish, and the read-back must prove (a) nothing
  * lost or duplicated, (b) each shard is dense and ordered, (c) the
  * written manifest equals the gate-checked d_shuffle_export result
  * computed independently, (d) the publish is atomic. */
class ShardExportSpec extends SparkSpec {

  private def tmpRoot(): String =
    tempDir("graft_export").toString + "/corpus"

  test("export round-trips the corpus: complete, dense, ordered, manifest-true") {
    val root = tmpRoot()
    val docs = sources.Tables.documents(spark, sf)
    val v = ShardExport.export(docs, "text", "doc_id", "source", root, shardSize = 16L)
    assert(v == 1L)

    val back = ShardExport.readData(spark, root)
    val n = docs.count()
    assert(back.count() == n, "every doc exported exactly once")
    assert(back.select("doc_id").distinct().count() == n)

    // each shard: dense 0..k-1 positions, size 16 except the last
    val shards = back.groupBy("shard").agg(
      count(lit(1)).as("n"), min("pos_in_shard").as("lo"),
      max("pos_in_shard").as("hi")).collect()
    val nShards = (n + 15) / 16
    assert(shards.length == nShards)
    shards.foreach { r =>
      assert(r.getAs[Long]("lo") == 0L && r.getAs[Long]("hi") == r.getAs[Long]("n") - 1,
        s"shard ${r.get(0)} not dense: $r")
    }
    assert(shards.map(_.getAs[Long]("n")).sum == n)

    // a single shard read back in training order: file row order alone
    // already IS pos_in_shard order (the loader's sequential-read path)
    val s0 = ShardExport.readShard(spark, root, 0L)
    assert(s0.count() == 16L)
    val raw = spark.read.parquet(
      Paths.get(root, s"v_$v", "data").toString + "/shard=0")
      .select("pos_in_shard").collect().map(_.getLong(0)).toSeq
    assert(raw == raw.sorted, s"shard file not in training order: $raw")

    // the written manifest must equal the d_shuffle_export gate query
    // recomputed independently at the same shard size — except the
    // query fixes shardSize=100, so recompute via the same operators
    val want = ShardExport.manifest(
      ShardExport.assign(docs, "text", "doc_id", 16L),
      "doc_id", "source").orderBy("shard").collect().toSeq
    val got = ShardExport.readManifest(spark, root).orderBy("shard").collect().toSeq
    assert(got == want)

    // and the manifest checksum is order-SENSITIVE: recompute it from
    // the read-back rows joined to the assignment — membership alone
    // can't fake it
    val pos = ShardExport.assign(docs, "text", "doc_id", 16L)
      .select(col("doc_id"), col("__pos"), col("__oh"))
    val fromBack = back.join(pos, "doc_id")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(sum(col("__pos") * (col("__oh") % lit(1000003L))).as("order_sum"))
      .orderBy("shard").collect().map(r => (r.getAs[Any]("shard"), r.getAs[Long]("order_sum")))
    val fromManifest = got.map(r => (r.getAs[Any]("shard"), r.getAs[Long]("order_sum")))
    assert(fromBack.toSeq == fromManifest)

    // at shardSize=100 the manifest IS the gate query, frame-equal
    val root100 = tmpRoot()
    ShardExport.export(docs, "text", "doc_id", "source", root100)
    val gate = queries.LlmData.queries("d_shuffle_export")(spark, sf)
      .collect().toSeq
    val man100 = ShardExport.readManifest(spark, root100)
      .orderBy("shard").collect().toSeq
    assert(man100 == gate)
  }

  test("publish is atomic: re-export bumps the version, crash leaves the old live") {
    val root = tmpRoot()
    // deterministic subset — limit() without an order can pick
    // different rows per evaluation, and `docs` re-evaluates per export
    val docs = sources.Tables.documents(spark, sf).where(col("doc_id") < 40)
    ShardExport.export(docs, "text", "doc_id", "source", root, shardSize = 8L)
    val before = ShardExport.readManifest(spark, root).collect().toSeq

    // simulate a crashed second export: snapshot dir exists, pointer
    // never moved — readers still resolve v_1
    Files.createDirectories(Paths.get(root, "v_99", "data"))
    assert(AtomicSwapWriter.currentVersion(root).contains(1L))
    assert(ShardExport.readManifest(spark, root).collect().toSeq == before)

    // a completed re-export swaps atomically to v_2
    val v2 = ShardExport.export(docs, "text", "doc_id", "source", root, shardSize = 8L)
    assert(v2 == 2L)
    assert(ShardExport.readManifest(spark, root).collect().toSeq == before,
      "deterministic shuffle: same corpus ⇒ identical manifest across versions")
  }
}

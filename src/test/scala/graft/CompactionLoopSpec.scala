package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, Dedup, Similarity}
import graft.streaming.StreamingPipeline

/** The ingest-dedup-compact-restart loop, end to end (the
  * CurationLoopSpec discipline applied to the always-on dedup paths):
  * a stream's bounded state (TTL'd keepers / band buckets) only
  * covers the recent horizon — FULL coverage across restarts comes
  * from periodically COMPACTING the streamed delta back into the
  * persisted artifact (AnnIndex codes table / MinHash band table) and
  * bootstrapping the next stream generation from the compacted
  * artifact. These specs drive two full generations over a 3-way
  * corpus split and pin the loop's invariant: batch-over-snapshot ∪
  * streamed-generation-1 ∪ streamed-generation-2 == one-shot batch
  * over the whole corpus. Nothing is lost at a compaction boundary,
  * nothing is double-emitted. */
class CompactionLoopSpec extends SparkSpec {
  import spark.implicits._

  private def streamDrops(part: Array[(Long, Seq[Float])], name: String,
                          books: Array[Array[Array[Double]]],
                          codes: DataFrame,
                          cents: Array[Array[Double]]): Set[(String, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingPipeline.pqDedupStream(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        books, initialCodes = Some(codes), cents = Some(cents))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    input.addData(part.toSeq)
    q.processAllAvailable(); q.stop()
    spark.table(name).select("cell_key", "drop_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
  }

  test("PQ dedup loop: stream -> AnnIndex.append compaction -> restart == one-shot batch") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint(eager = true)
    val Seq(h1, h2, h3) = (0 to 2).map(r =>
      emb.filter($"vec_id" % 3 === r.toLong).localCheckpoint(eager = true))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

    // generation 0: artifacts trained on the snapshot, index written
    val cents = Similarity.kmeansCentroids(h1, "vec_id", "embedding",
      k = 8, iters = 4, trainMod = 4)
    val books = Similarity.pqResidualCodebooks(h1, "vec_id", "embedding",
      cents, m = 4, ks = 8, dim = 64, iters = 4, trainMod = 4)
    val dir = tempDir("cmp_loop").toString
    AnnIndex.write(h1, "vec_id", "embedding", dir, "cmp_codes", cents, books)

    // generation 1: stream h2 bootstrapped from the h1 artifact
    val (codes1, _) = AnnIndex.load(spark, dir, "cmp_codes")
    val e2 = streamDrops(rows(h2), "cmp_gen1", books, codes1, cents)

    // COMPACT: fold the streamed delta into the artifact row-locally
    // (this is the wiring under test — the codes table now covers
    // h1 ∪ h2), then generation 2 bootstraps from the compacted table
    AnnIndex.append(h2, "embedding", dir, "cmp_codes")
    val (codes2, _) = AnnIndex.load(spark, dir, "cmp_codes")
    assert(codes2.count() == h1.count() + h2.count(),
      "compaction did not grow the codes table")
    val e3 = streamDrops(rows(h3), "cmp_gen2", books, codes2, cents)

    // the loop invariant
    def batchDrops(df: DataFrame): Set[(String, Long)] = {
      val keyCols = "cell" +: books.indices.map(i => s"code_$i")
      val c = Similarity.pqCodesResidual(df, "vec_id", "embedding", cents, books)
      val keep = c.groupBy(keyCols.map(col): _*)
        .agg(min($"vec_id").as("keep_id"))
      c.join(keep, keyCols).filter($"vec_id" =!= $"keep_id")
        .select(concat_ws("|", keyCols.map(col): _*).as("k"),
          $"vec_id".as("d"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    val snapshotInternal = batchDrops(h1)
    val oneShot = batchDrops(emb)
    assert(e2.nonEmpty && e3.nonEmpty, "both generations must emit")
    assert((snapshotInternal ++ e2 ++ e3) == oneShot,
      s"loop lost/invented drops: snap=${snapshotInternal.size} " +
        s"e2=${e2.size} e3=${e3.size} oneShot=${oneShot.size} " +
        s"missing=${(oneShot -- snapshotInternal -- e2 -- e3).take(5)} " +
        s"extra=${((snapshotInternal ++ e2 ++ e3) -- oneShot).take(5)}")
    // a cross-generation dup was actually caught via the compacted
    // bootstrap (an h3 arrival dropping against an h2 keeper), not
    // just replays of snapshot state
    val h2Ids = rows(h2).map(_._1).toSet
    val gen2KeeperIds = spark.table("cmp_gen2").select("keep_id")
      .collect().map(_.getLong(0)).toSet
    assert(gen2KeeperIds.exists(h2Ids), // h2 keeper only visible via compaction
      "generation 2 never dedup'd against a compacted-in h2 keeper")
  }

  test("LSH near-dup loop: stream -> band-table compaction -> restart == one-shot batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").localCheckpoint(eager = true)
    val Seq(h1, h2, h3) = (0 to 2).map(r =>
      docs.filter($"doc_id" % 3 === r.toLong).localCheckpoint(eager = true))
    def bandsOf(df: DataFrame) = Dedup.lshBands(
      Dedup.minhashSignatures(df, "doc_id", "text", 3, 16, None),
      "doc_id", 16, 4).localCheckpoint(eager = true)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def streamPairs(part: Array[(Long, String)], name: String,
                    boot: DataFrame): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, String)]
      val q = StreamingPipeline.lshNearDupStream(
          input.toDF().toDF("doc_id", "text"), "doc_id", "text",
          initialBands = Some(boot))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      input.addData(part.toSeq)
      q.processAllAvailable(); q.stop()
      spark.table(name).select("id1", "id2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    // generation 1 boots from the snapshot's persisted band table;
    // compaction appends the delta's bands (the minhashLshDelta
    // artifact maintenance); generation 2 boots from the union
    val bands1 = bandsOf(h1)
    val p2 = streamPairs(rows(h2), "cmp_lsh1", bands1)
    val bands12 = bands1.unionByName(bandsOf(h2))
      .localCheckpoint(eager = true)
    val p3 = streamPairs(rows(h3), "cmp_lsh2", bands12)

    def batchPairs(df: DataFrame): Set[(Long, Long)] =
      Dedup.candidatePairs(bandsOf(df), "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = batchPairs(h1) ++ p2 ++ p3
    val oneShot = batchPairs(docs)
    assert(all == oneShot,
      s"loop lost/invented pairs: got=${all.size} want=${oneShot.size} " +
        s"missing=${(oneShot -- all).take(5)} extra=${(all -- oneShot).take(5)}")
    // at least one cross-generation pair (h3 doc against an h2 doc)
    // came through the compacted bootstrap
    val h2Ids = rows(h2).map(_._1).toSet
    val h3Ids = rows(h3).map(_._1).toSet
    assert(p3.exists(p => (h2Ids(p._1) && h3Ids(p._2)) ||
        (h3Ids(p._1) && h2Ids(p._2))),
      "generation 2 never paired against a compacted-in h2 band")
  }
}

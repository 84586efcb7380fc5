package graft

import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.operators.SessionStore
import graft.queries.LlmData

/** The session store's lifecycle (build once per key, release on
  * clear, never touch what it did not build) and the oracle's
  * unambiguity guard on the trained values it holds. */
class SessionStoreSpec extends SparkSpec {

  private def key(s: org.apache.spark.sql.SparkSession, name: String) =
    SessionStore.corpus(s, sf) / name

  private def persisted(ids: Seq[Int]): Seq[Int] =
    ids.filter(spark.sparkContext.getPersistentRDDs.contains)

  test("memo builds once per (session, dir, name) and again in a new session") {
    SessionStore.clear()
    var builds = 0
    def build(k: SessionStore.Key): Int =
      SessionStore.memo(Some(k)) { builds += 1; builds }
    assert(build(key(spark, "spec|once")) == 1)
    assert(build(key(spark, "spec|once")) == 1)
    assert(builds == 1)
    assert(build(key(spark.newSession(), "spec|once")) == 2)
    assert(build(SessionStore.corpus(spark, sf + "/other") / "spec|once") == 3)
    assert(build(key(spark, "spec|twice")) == 4)
    assert(SessionStore.count("spec|once") == 3)
    SessionStore.clear()
  }

  test("memo with no key builds on every call") {
    var builds = 0
    (1 to 3).foreach(_ => SessionStore.memo(None) { builds += 1 })
    assert(builds == 3)
  }

  test("clear drops every entry and releases the RDDs its builds claimed") {
    SessionStore.clear()
    val frame = SessionStore.memoFrame(Some(key(spark, "spec|frame")))(
      spark.range(100).toDF("id"))
    val ids = ColumnBridge.checkpointRdds(frame).map(_.id)
    assert(ids.nonEmpty && persisted(ids) == ids)
    assert(SessionStore.only[Any]("spec|frame").isDefined)
    SessionStore.clear()
    assert(SessionStore.count("spec|frame") == 0)
    assert(persisted(ids).isEmpty, "claimed checkpoint blocks outlived clear()")
    var builds = 0
    SessionStore.memo(Some(key(spark, "spec|frame"))) { builds += 1 }
    assert(builds == 1, "a cleared key must build again")
    SessionStore.clear()
  }

  test("a caller-held localCheckpoint made outside any build survives clear") {
    SessionStore.clear()
    SessionStore.memoFrame(Some(key(spark, "spec|a")))(spark.range(10).toDF("id"))
    val held = spark.range(50).toDF("id").localCheckpoint(eager = true)
    SessionStore.memoFrame(Some(key(spark, "spec|b")))(spark.range(20).toDF("id"))
    val heldIds = ColumnBridge.checkpointRdds(held).map(_.id)
    SessionStore.clear()
    assert(persisted(heldIds) == heldIds)
    assert(held.count() == 50)
    heldIds.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist())
  }

  test("clear deletes the index dir a store build took; the index rebuilds identically") {
    SessionStore.clear()
    LlmData.storeBuilders("_store_annindex")(spark, sf)
    val dir = SessionStore.only[String]("annIndex").get
    assert(new java.io.File(dir).isDirectory)
    val rows = SparkEntry.queries("s_ivfpq_indexed")(spark, sf).collect().toSeq
    assert(rows.nonEmpty)
    SessionStore.clear()
    assert(!new java.io.File(dir).exists(), s"$dir outlived clear()")
    val again = SparkEntry.queries("s_ivfpq_indexed")(spark, sf).collect().toSeq
    assert(again == rows)
    assert(SessionStore.only[String]("annIndex").exists(_ != dir))
    SessionStore.clear()
  }

  test("the oracle interpolates trained values only from one unambiguous corpus") {
    def guarded(store: String, keys: Seq[String]): Unit = {
      SessionStore.clear()
      LlmData.storeBuilders(store)(spark, sf)
      val one = SparkEntry.oracleSql
      keys.foreach(k => assert(one.contains(k), s"$store: $k missing with one corpus"))
      LlmData.storeBuilders(store)(spark.newSession(), sf)
      val two = SparkEntry.oracleSql
      keys.foreach(k => assert(!two.contains(k), s"$store: $k kept with two corpora"))
      SessionStore.clear()
    }
    guarded("_store_pq", Seq("s_pq_topk", "d_pq_semdedup"))
    // the composed index needs the coarse centroids AND the residual
    // books of one training
    guarded("_store_pqres", Seq("s_ivfpq_topk"))
  }

  private def tmpDirs(prefix: String): Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(prefix)).map(_.getName).toSet

  test("p_stream_sessions leaves no graft_stream dir once the store is cleared") {
    SessionStore.clear()
    val before = tmpDirs("graft_stream")
    assert(SparkEntry.queries("p_stream_sessions")(spark, sf).collect().nonEmpty)
    SessionStore.clear()
    assert(tmpDirs("graft_stream") -- before == Set.empty[String])
  }

  test("a replay whose sink throws leaves no staged dir behind") {
    val before = tmpDirs("graft_replay_spec")
    val fail: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (_, _) => throw new IllegalStateException("sink down")
    intercept[Exception] {
      graft.streaming.StreamingPipeline.replayFiles("graft_replay_spec",
          Seq("ids" -> spark.range(10).toDF("id")), boundedTriggers = true) {
        _.writeStream.foreachBatch(fail)
      }
    }
    assert(tmpDirs("graft_replay_spec") -- before == Set.empty[String])
  }

  test("a store temp dir no clear() took is deleted when the JVM exits") {
    val tmp = tempDir("graft_exit")
    val bin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(bin, s"-Djava.io.tmpdir=$tmp",
      "-cp", System.getProperty("java.class.path"), "graft.SessionStoreExitChild")
      .redirectErrorStream(true).start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8").trim
    assert(child.waitFor() == 0, out)
    val dir = java.nio.file.Paths.get(out.linesIterator.toSeq.last)
    assert(dir.getParent == tmp, out)
    assert(!java.nio.file.Files.exists(dir), s"$dir outlived its JVM")
  }
}

/** A JVM that takes a store temp dir, prints it and exits without
  * calling `SessionStore.clear()`. */
object SessionStoreExitChild {
  def main(args: Array[String]): Unit = {
    val dir = SessionStore.tempDir("graft_exit_child")
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
    println(dir)
  }
}

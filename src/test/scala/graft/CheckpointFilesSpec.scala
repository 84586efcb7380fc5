package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.sources.{CheckpointFiles, EventBatchReader, Spool}
import graft.streaming.StreamingPipeline

/** [[CheckpointFiles]], the checkpoint manager of every graft stream:
  * atomic, fail-if-exists and verified on read like Spark's default
  * manager, interchangeable with it on one checkpoint, and without a
  * forked process per file. */
class CheckpointFilesSpec extends SparkSpec {

  private val managerKey = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  private def manager(dir: JPath): CheckpointFileManager =
    new CheckpointFiles(new Path(dir.toUri), new Configuration())

  private def write(m: CheckpointFileManager, p: Path, body: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("createAtomic without overwrite on an existing file throws and leaves it as it was") {
    val dir = tempDir("graft_ckf")
    val m = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(m, p, "v1\nfirst", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, p, "v1\nsecond", overwrite = false))
    assert(read(m, p) == "v1\nfirst")
    assert(names(dir) == Set("0", ".0.crc"))
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = tempDir("graft_ckf")
    val m = manager(dir)
    val out = m.createAtomic(new Path(dir.resolve("1.delta").toUri), overwriteIfPossible = true)
    out.write(Array.fill[Byte](5000)(7))
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("an overwrite replaces the file and its sidecar") {
    val dir = tempDir("graft_ckf")
    val m = manager(dir)
    val p = new Path(dir.resolve("metadata").toUri)
    write(m, p, "a" * 700, overwrite = true)
    val sidecar = dir.resolve(".metadata.crc")
    val before = Files.readAllBytes(sidecar)
    write(m, p, "b" * 1300, overwrite = true)
    assert(read(m, p) == "b" * 1300)
    // header (8 bytes) and one CRC32 per started 512-byte chunk
    assert(before.length == 8 + 2 * 4)
    assert(Files.readAllBytes(sidecar).length == 8 + 3 * 4)
    assert(names(dir) == Set("metadata", ".metadata.crc"))
    // the sidecar is Hadoop's own: its LocalFileSystem verifies the file
    val fs = new Path(dir.toUri).getFileSystem(new Configuration())
    val in = fs.open(p)
    try assert(new String(in.readAllBytes(), StandardCharsets.UTF_8) == "b" * 1300) finally in.close()
  }

  test("a path off the local checksummed filesystem goes to Spark's manager") {
    val conf = new Configuration()
    conf.set("fs.rawtest.impl", classOf[RawLocalFileSystem].getName)
    val p = new Path("rawtest:///checkpoint")
    val chosen = new CheckpointFiles(p, conf).manager.getClass
    assert(chosen == CheckpointFileManager.create(p, conf).getClass)
    assert(chosen.getName.startsWith("org.apache.spark."))
    val local = new CheckpointFiles(new Path(tempDir("graft_ckf").toUri), conf).manager.getClass
    assert(local.getName.startsWith("graft."))
  }

  private def envelope(spool: String, ids: Seq[Int]): Unit = {
    val events = ids.map { i =>
      s"""{"messageId":"$i","userId":"u${i % 4}","event":"view",""" +
        s""""originalTimestamp":"2024-01-01T00:00:${"%02d".format(i % 60)}.000Z","sentAt":"2024-01-01T00:01:00.000Z"}"""
    }
    Spool.spool(spool, "req", s"""{"writeKey":"wk","requestIP":"10.0.0.1",""" +
      s""""receivedAt":"2024-01-01T00:01:00.000Z","batch":[${events.mkString(",")}]}""")
  }

  /** One run of the live shape on its own session: spool →
    * `readStream` → `dedupStream` → `foreachBatch`, which adds each
    * micro-batch's message ids to `seen`. Each step spools, then the
    * query takes everything available. With `graft = false` the run
    * uses Spark's default checkpoint manager. */
  private def run(spool: String, checkpoint: String, seen: java.util.Queue[String],
                  graft: Boolean)(steps: (() => Unit)*): Unit = {
    val s = spark.newSession()
    val events = EventBatchReader.readStream(s, spool)
      .withColumn("ts_ms", unix_millis(col("original_timestamp")))
    if (!graft) s.conf.unset(managerKey)
    val chosen = CheckpointFileManager.create(new Path(checkpoint), s.sessionState.newHadoopConf())
    assert(chosen.isInstanceOf[CheckpointFiles] == graft)
    val query = StreamingPipeline.dedupStream(events, Seq("message_id"))
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, _: Long) =>
        df.select("message_id").collect().foreach(r => seen.add(r.getString(0))))
      .start()
    try steps.foreach { step => step(); query.processAllAvailable() }
    finally query.stop()
  }

  for ((first, second) <- Seq(false -> true, true -> false)) {
    def name(graft: Boolean) = if (graft) "graft's" else "Spark's default"
    test(s"a checkpoint started under ${name(first)} manager resumes under ${name(second)}, exactly once") {
      val spool = tempDir("graft_ckf_spool").toString
      val checkpoint = tempDir("graft_ckf_ck").resolve("ck").toString
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      run(spool, checkpoint, seen, first)(
        () => envelope(spool, (0 until 20) ++ (0 until 5)),
        () => envelope(spool, 15 until 30))
      val afterFirst = seen.asScala.toList
      assert(afterFirst.sorted == (0 until 30).map(_.toString).sorted)
      // the resumed run replays nothing and drops ids the first run saw
      run(spool, checkpoint, seen, second)(
        () => (),
        () => envelope(spool, 25 until 45))
      assert(seen.asScala.toList.sorted == (0 until 45).map(_.toString).sorted)
    }
  }

  test("flipping one byte of an offset-log file fails the resume") {
    val spool = tempDir("graft_ckf_spool").toString
    val checkpoint = tempDir("graft_ckf_ck").resolve("ck")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    run(spool, checkpoint.toString, seen, graft = true)(() => envelope(spool, 0 until 10))
    val offsets = checkpoint.resolve("offsets")
    val batches = names(offsets).filterNot(_.startsWith("."))
    assert(batches.nonEmpty && names(offsets) == batches ++ batches.map(b => s".$b.crc"))
    // the latest batch's source offset on its last line, 0 → 1: still
    // a valid log, so only the checksum tells
    val file = offsets.resolve(batches.maxBy(_.toLong))
    val bytes = Files.readAllBytes(file)
    val at = new String(bytes, StandardCharsets.UTF_8).lastIndexOf("0")
    bytes(at) = '1'
    Files.write(file, bytes)
    val e = intercept[Exception](run(spool, checkpoint.toString, seen, graft = true)(() => ()))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e.toString)
  }

  test("three live micro-batches fork no process through Hadoop's Shell") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val spool = tempDir("graft_ckf_spool").toString
    val checkpoint = tempDir("graft_ckf_ck").resolve("ck").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val dump = tempDir("graft_ckf_jfr").resolve("forks.jfr")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    try {
      run(spool, checkpoint, seen, graft = true)(
        () => envelope(spool, 0 until 10),
        () => envelope(spool, 10 until 20),
        () => envelope(spool, 20 until 30))
      // a fork the recording must see, so an empty one cannot pass
      new ProcessBuilder("true").start().waitFor()
    } finally {
      recording.stop()
      recording.dump(dump)
      recording.close()
    }
    assert(seen.size == 30)
    val starts = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    def frames(e: jdk.jfr.consumer.RecordedEvent): Seq[String] =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(f => f.getMethod.getType.getName)
    assert(starts.exists(_.getString("command").startsWith("true")))
    val shell = starts.filter(frames(_).exists(_.startsWith("org.apache.hadoop.util.Shell")))
    assert(shell.isEmpty,
      s"${shell.size} forks through Hadoop's Shell: ${shell.map(_.getString("command")).distinct.take(5)}")
  }
}

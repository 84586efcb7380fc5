package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sinks.{AtomicSwapWriter, ShardExport}
import graft.sources.Tables

/** graft's one parquet reader, [[Tables.read]]: the same frame as
  * `spark.read.parquet` over every layout graft reads (single-file
  * tables, Spark-written multi-part dirs, a partitioned export, a
  * snapshot), with no Spark job to infer the schema; and the
  * `Tables` memo's lifetime rules. */
class ParquetReadSpec extends SparkSpec {

  /** The sf0.01 tables, beside the suites' sf0.001 ones. */
  private val sf01 = Paths.get(sf).resolveSibling("sf0.01").toString

  /** `Tables.read(path)` against `spark.read.parquet(path)`: equal
    * schemas (partition columns included) and equal rows. */
  private def assertSameRead(path: String): Unit = {
    val got = Tables.read(spark, path)
    val want = spark.read.parquet(path)
    assert(got.schema == want.schema, s"$path:\n${got.schema.treeString}\n${want.schema.treeString}")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"rows differ at $path")
  }

  test("every sf0.01 table reads as spark.read.parquet reads it") {
    Tables.names.foreach(t => assertSameRead(s"$sf01/$t.parquet"))
  }

  test("every table of a Replicate dir (multi-part, Spark-written) reads as spark.read.parquet reads it") {
    import graft.tools.Replicate
    val out = tempDir("graft_replica").toString
    val facts = Seq[(String, (DataFrame, Int) => DataFrame)](
      "lineitem" -> Replicate.lineitem, "orders" -> Replicate.orders,
      "events" -> Replicate.events, "documents" -> Replicate.documents,
      "embeddings" -> Replicate.embeddings)
    facts.foreach { case (t, f) =>
      (0 until 2).map(i => f(Tables(spark, sf01, t), i)).reduce(_ unionAll _)
        .repartition(3).write.parquet(s"$out/$t.parquet")
    }
    Tables.names.filterNot(t => facts.exists(_._1 == t)).foreach { t =>
      Files.createSymbolicLink(Paths.get(s"$out/$t.parquet"), Paths.get(s"$sf01/$t.parquet"))
    }
    assert(Files.list(Paths.get(s"$out/lineitem.parquet")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")) > 1, "expected a multi-part dir")
    Tables.names.foreach(t => assertSameRead(s"$out/$t.parquet"))
  }

  test("a ShardExport export (data partitioned by shard, and its manifest) reads as spark.read.parquet reads it") {
    val root = tempDir("graft_export").toString + "/corpus"
    val v = ShardExport.export(Tables.documents(spark, sf), "text", "doc_id", "source", root,
      shardSize = 16L)
    assertSameRead(Paths.get(root, s"v_$v", "data").toString)
    assertSameRead(Paths.get(root, s"v_$v", "manifest").toString)
    val data = ShardExport.readData(spark, root)
    assert(data.schema.last.name == "shard", data.schema.treeString)
    assert(data.where(col("shard") === 0L).count() == 16L)
  }

  test("an AtomicSwapWriter snapshot reads as spark.read.parquet reads it") {
    val s = spark
    import s.implicits._
    val root = tempDir("graft_swap").toString + "/t"
    AtomicSwapWriter.publish(Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("id", "v", "w"), root)
    val v = AtomicSwapWriter.publish(Seq((10L, "x", 2.5)).toDF("id", "v", "w"), root)
    assertSameRead(Paths.get(root, s"v_$v").toString)
    assert(AtomicSwapWriter.readCurrent(spark, root).as[(Long, String, Double)].collect()
      .toSeq == Seq((10L, "x", 2.5)))
  }

  test("a fresh session reads all ten tables through Tables without a Spark job") {
    // positive control: the listener sees the schema job of Spark's
    // own inference
    assert(underGroup(spark.read.parquet(s"$sf01/region.parquet"))._1 == 1)
    val fresh = spark.newSession()
    assert(underGroup(Tables.names.foreach(t => Tables(fresh, sf01, t)))._1 == 0)
  }

  test("Tables.invalidate drops a rewritten dir's frames; until then the session keeps them") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_catalogue").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val first = Tables(spark, dir, "t")
    Seq((2L, 3.5)).toDF("id", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t") eq first, "a live session's frames survive")
    Tables.invalidate(dir)
    val again = Tables(spark, dir, "t")
    assert(again.columns.toSeq == Seq("id", "w"))
    assert(again.as[(Long, Double)].collect().toSeq == Seq((2L, 3.5)))
  }

  test("a stopped session's memoized frames go, a live session's stay (child JVM)") {
    val bin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq.filter(_.startsWith("--add-opens"))
    val cmd = Seq(bin, "-Xmx1g", "-Dspark.ui.enabled=false",
      s"-Djava.io.tmpdir=${tempDir("graft_memo_child")}") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.TablesMemoChild", sf)
    val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, out)
    assert(out.linesIterator.toSeq.lastOption.contains("memo ok"), out)
  }
}

/** A JVM that reads a table in one session, stops it, reads in a
  * second session, and checks that only the live session's frames
  * are memoized. */
object TablesMemoChild {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    def session(): SparkSession = {
      val s = GraftSession.builder(1).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val stopped = session()
    Tables(stopped, sf, "region")
    assert(Tables.memoSessions == Set(stopped))
    stopped.stop()
    val live = session()
    val nation = Tables(live, sf, "nation")
    assert(Tables.memoSessions == Set(live), s"memoized: ${Tables.memoSessions}")
    assert(Tables(live, sf, "nation") eq nation)
    live.stop()
    println("memo ok")
  }
}

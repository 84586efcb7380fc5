package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session), and
  * the suites' one maker of temp directories: [[tempDir]]s are deleted
  * after their suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .config("spark.sql.warehouse.dir", SparkSpec.warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def sf: String = "/root/testdata/sf0.001"

  private val ownedDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `java.io.tmpdir`, deleted after this suite. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    ownedDirs.add(dir)
    dir
  }

  /** The jobs started and the stages submitted while `body` runs
    * under a fresh job group. */
  def underGroup(body: => Unit): (Int, Seq[StageInfo]) = {
    val sc = spark.sparkContext
    val group = s"spec-${java.util.UUID.randomUUID()}"
    val sentinel = s"spec-sentinel-${java.util.UUID.randomUUID()}"
    def of(p: java.util.Properties): String =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    @volatile var synced = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (of(e.properties) == group) jobs.incrementAndGet()
        else if (of(e.properties) == sentinel) synced = true
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (of(e.properties) == group) stages.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      // the listener bus is asynchronous and ordered: once the
      // sentinel job's start arrives, every earlier event has too
      sc.setJobGroup(sentinel, sentinel)
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!synced && System.nanoTime() < deadline) Thread.sleep(10)
      assert(synced, "sentinel job never reported")
      (jobs.get(), stages.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally ownedDirs.forEach(d => operators.AnnIndex.deleteRecursively(d.toFile))
}

object SparkSpec {
  /** The JVM's one warehouse directory: every suite shares one session
    * through `getOrCreate`, so only the first builder's directory is
    * ever used. Deleted when the JVM exits. */
  lazy val warehouse: Path = {
    val dir = Files.createTempDirectory("graft_wh")
    sys.addShutdownHook(operators.AnnIndex.deleteRecursively(dir.toFile))
    dir
  }
}

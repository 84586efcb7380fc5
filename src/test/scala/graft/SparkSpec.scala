package graft

import java.nio.file.{Files, Path}

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

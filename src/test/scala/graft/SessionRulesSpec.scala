package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The session rules: [[GraftSession]] is the only place a session is
  * built, [[SparkEntry.queries]] is the one boundary that tunes a
  * caller's session — so a session graft did not build still reads the
  * tables exactly as one it did — and [[graft.operators.SessionStore]]
  * is the one store for what a session derives from a corpus. */
class SessionRulesSpec extends SparkSpec {

  test("a caller-built session gets the factory session's rows through SparkEntry.queries") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    caller.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert(!caller.conf.get("spark.sql.legacy.parquet.nanosAsLong").toBoolean)
    def rows(s: org.apache.spark.sql.SparkSession): Seq[String] =
      SparkEntry.queries("p_sessionize")(s, sf).collect().map(_.toString).toSeq.sorted
    val expected = rows(spark)
    assert(expected.nonEmpty)
    assert(rows(caller) == expected)
  }

  /** (file name, code line) for every main-code line that is not a
    * comment or Scaladoc line. */
  private lazy val mainCode: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.map(_.trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
        .map(l => p.getFileName.toString -> l)
    }
  }

  test("SparkSession.builder( is called only in GraftSession.scala") {
    val sites = mainCode.collect {
      case (f, l) if l.contains("SparkSession.builder(") => f
    }.distinct
    assert(sites == Seq("GraftSession.scala"), s"builder sites: $sites")
  }

  test("GraftSession.tune has exactly one caller, SparkEntry.queries") {
    val callers = mainCode.collect {
      case (f, l) if l.contains("GraftSession.tune(") => f
    }
    assert(callers == Seq("SparkEntry.scala"), s"tune callers: $callers")
  }

  test("SessionStore.scala is the only main file that holds a TrieMap or a clear hook") {
    val sites = mainCode.collect {
      case (f, l) if l.contains("TrieMap") || l.contains("onClearStore") => f
    }.distinct
    assert(sites == Seq("SessionStore.scala"), s"ad-hoc memo stores: $sites")
  }

  test("main code reads only SPARK_GRAFT_CPUS (GraftSession) and SPARK_GRAFT_SF_DIR (Bench) from the env") {
    val allowed = Set(
      "GraftSession.scala" -> "SPARK_GRAFT_CPUS",
      "Bench.scala" -> "SPARK_GRAFT_SF_DIR")
    val name = """(?:sys\.env\.\w+\(|sys\.env\(|System\.getenv\()"([^"]+)"""".r
    val reads = mainCode.collect {
      case (f, l) if l.contains("sys.env") || l.contains("getenv") =>
        val names = name.findAllMatchIn(l).map(_.group(1)).toSeq
        if (names.isEmpty) Seq(f -> s"<unnamed read: $l>") else names.map(f -> _)
    }.flatten
    val stray = reads.filterNot(allowed)
    assert(stray.isEmpty, s"env reads outside the rules: $stray")
    assert(reads.toSet == allowed, s"env reads: $reads")
  }
}

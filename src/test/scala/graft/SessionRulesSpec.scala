package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The session rules: [[GraftSession]] is the only place a session is
  * built, [[SparkEntry.queries]] is the one boundary that tunes a
  * caller's session — so a session graft did not build still reads the
  * tables exactly as one it did — and [[graft.operators.SessionStore]]
  * is the one store for what a session derives from a corpus. Beside
  * them, one way to do each thing: [[graft.sources.Spool]] is the one
  * file commit, [[GraftSession]] alone names the streaming checkpoint
  * manager ([[graft.sources.CheckpointFiles]]), the store is the one
  * owner of temp directories (and [[SparkSpec.tempDir]] in the
  * tests), [[graft.operators.Widths]] is the one reader of a width
  * setting, [[graft.sources.Tables.read]] is the one parquet reader
  * (`read.parquet(` and `format("parquet")` reads appear only in
  * `Tables.scala`), graft reads no session conf of its own, no
  * top-level type is left that nothing names, no 8-line run of code
  * occurs twice in a file under `src/main/scala/graft/queries` (a
  * shared CTE chain or evaluator is built once), and no main line
  * constructs a `LogicalRDD` or a `HashPartitioning` (a plan node that
  * claims a row layout the planner cannot check). */
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

  /** (file name, line) for every line of the Scala files under `dir`,
    * indentation kept. */
  private def lines(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.map(l => p.getFileName.toString -> l)
    }
  }

  /** [[lines]] without comment and Scaladoc lines. */
  private def code(dir: String): Seq[(String, String)] =
    lines(dir).filterNot { case (_, l) =>
      val t = l.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }

  /** (file name, code line) for every main-code line that is not a
    * comment or Scaladoc line. */
  private lazy val mainCode: Seq[(String, String)] =
    code("src/main/scala").map { case (f, l) => f -> l.trim }

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

  test("Spool.scala is the only main file that commits a file (ATOMIC_MOVE, FileChannel)") {
    val sites = mainCode.collect {
      case (f, l) if l.contains("ATOMIC_MOVE") || l.contains("FileChannel") => f
    }.distinct
    assert(sites == Seq("Spool.scala"), s"file commits outside the spool: $sites")
  }

  test("only GraftSession.scala names Spark's checkpoint file manager conf") {
    val names = Seq("spark.sql.streaming.checkpointFileManagerClass",
      "STREAMING_CHECKPOINT_FILE_MANAGER_CLASS")
    val sites = lines("src/main/scala").collect {
      case (f, l) if names.exists(l.contains) => f
    }.distinct
    assert(sites == Seq("GraftSession.scala"), s"checkpoint manager named at: $sites")
  }

  test("SessionStore.scala is the only main file that creates a temp directory") {
    val sites = mainCode.collect {
      case (f, l) if l.contains("createTempDirectory") => f
    }.distinct
    assert(sites == Seq("SessionStore.scala"), s"temp dirs outside the store: $sites")
  }

  test("test code creates temp directories only through SparkSpec.tempDir") {
    val call = """\bcreateTempDirectory\s*\(""".r
    val sites = lines("src/test/scala").collect {
      case (f, l) if call.findFirstIn(l).isDefined => f
    }.distinct
    assert(sites == Seq("SparkSpec.scala"), s"temp dirs outside SparkSpec: $sites")
  }

  test("only Widths.scala and GraftSession.scala name a width setting") {
    val settings = Seq("spark.sql.shuffle.partitions", "defaultParallelism",
      "SHUFFLE_PARTITIONS", "ADVISORY_PARTITION_SIZE")
    val sites = lines("src/main/scala").collect {
      case (f, l) if settings.exists(l.contains) => f
    }.distinct.sorted
    assert(sites == Seq("GraftSession.scala", "Widths.scala"), s"width settings read at: $sites")
  }

  test("Tables.scala is the only main file that reads parquet (read.parquet(, format(\"parquet\"))") {
    val parquetRead = """\bread(?:Stream)?\b.*(?:\.parquet\(|format\("parquet"\))""".r
    val sites = mainCode.collect {
      case (f, l) if parquetRead.findFirstIn(l).isDefined => f
    }.distinct
    assert(sites == Seq("Tables.scala"), s"parquet reads outside Tables.read: $sites")
  }

  test("main code reads no session conf key of its own (graft.*)") {
    val reads = mainCode.collect {
      case (f, l) if """conf\.\w+\(\s*"graft\.""".r.findFirstIn(l).isDefined => s"$f: $l"
    }
    assert(reads.isEmpty, s"graft session-conf reads: $reads")
  }

  test("every top-level main type is named outside its own declaration, or defines main") {
    // ROADMAP §2: the live Service is to call these three (the portal,
    // the counters and the REST poll workers kassette's main starts)
    val allowed = Set("Portal", "StatsEmitter", "RestPoller")
    val decl = """^(?:(?:final|sealed|abstract|case|private\S*)\s+)*(?:object|class|trait)\s+(\w+)""".r
    // each code line tagged with the top-level declaration it sits in:
    // a column-0 declaration, package or import line starts a new one
    def regions(lines: Seq[(String, String)]): Seq[((String, Int), String)] = {
      var n = 0
      var file = ""
      lines.map { case (f, l) =>
        if (f != file) { file = f; n += 1 }
        else if (!l.startsWith(" ") && (decl.findFirstIn(l).isDefined ||
          l.startsWith("package ") || l.startsWith("import "))) n += 1
        (f, n) -> l
      }
    }
    val main = regions(code("src/main/scala"))
    val all = main ++
      regions(code("perfbench/src")).map { case ((f, n), l) => (s"bench/$f", n) -> l }
    val types = main.collect {
      case (r, l) if !l.startsWith(" ") => decl.findFirstMatchIn(l).map(m => (r, m.group(1)))
    }.flatten
    val unnamed = types.filterNot { case (r, name) =>
      val word = s"\\b$name\\b".r
      allowed(name) ||
        main.exists { case (r2, l) => r2 == r && l.contains("def main(") } ||
        all.exists { case (r2, l) =>
          r2 != r && word.findFirstIn(l).isDefined &&
            !decl.findFirstMatchIn(l.trim).exists(_.group(1) == name) // a companion's
        }
    }.map { case ((f, _), name) => s"$f: $name" }
    assert(unnamed.isEmpty, s"top-level types nothing names: $unnamed")
  }

  test("no main line constructs a LogicalRDD or a HashPartitioning") {
    // a claimed layout the rows do not have gives silently wrong joins
    val construct = """\bnew\s+[\w.]*\bLogicalRDD\b|\b(?:LogicalRDD|HashPartitioning)\s*\(""".r
    val sites = mainCode.collect {
      case (f, l) if construct.findFirstIn(l).isDefined => s"$f: $l"
    }
    assert(sites.isEmpty, s"layout claims: $sites")
  }

  test("no 8-line run of code occurs twice in a file under src/main/scala/graft/queries") {
    // per file: drop blank, comment and SQL-comment (`|--`) lines,
    // collapse whitespace, then every window of 8 kept lines must be
    // unique; a repeat names both positions
    val files = Files.walk(Paths.get("src/main/scala/graft/queries")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val clones = files.flatMap { (p: Path) =>
      val kept = Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
        case (l, i) if { val t = l.trim
            t.nonEmpty && !Seq("//", "*", "/*", "|--").exists(t.startsWith) } =>
          (i + 1, l.trim.replaceAll("\\s+", " "))
      }
      kept.sliding(8).toSeq.groupBy(_.map(_._2)).values.filter(_.size > 1)
        .map(_.map(w => s"${p.getFileName}:${w.head._1}").mkString(" = "))
    }
    assert(clones.isEmpty, s"${clones.size} repeated 8-line runs:\n${clones.sorted.mkString("\n")}")
  }
}

package graft

import org.apache.spark.sql.SparkSession

import graft.sources.CheckpointFiles

/** The one SparkSession factory for the graft engine: Bench, Verify,
  * Demo, the tools and the test suites all build their session here.
  *
  * Scale notes (100 TB): AQE (on by default in Spark 4) handles
  * runtime coalescing/skew-splits. `shuffle.partitions` is the one
  * width ceiling: the pre-AQE upper bound of every shuffle and the
  * cap of every partition and shard count graft derives from plan
  * bytes ([[graft.operators.Widths]]) — the local core count here,
  * thousands on a real cluster. Events parquet carries INT64
  * TIMESTAMP(NANOS) which vanilla Spark rejects — `nanosAsLong` reads
  * it losslessly as epoch-nanos (see sources.Tables which normalizes
  * it). Every streaming checkpoint file on a local path commits
  * through [[graft.sources.CheckpointFiles]] (atomic, no forked
  * process per file): [[builder]] and [[tune]] name it, and
  * [[checkpoints]] names it on a session that reaches a stream
  * without either.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available
    * processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Spark's conf naming the streaming checkpoint file manager, and
    * graft's one value for it. */
  private val CheckpointManager = "spark.sql.streaming.checkpointFileManagerClass"
  private val ManagerClass = classOf[CheckpointFiles].getName

  /** Entries of Spark's JVM-wide cache of generated classes (a static
    * conf, default 100). Under the default one full `graft.Verify` at
    * sf0.01 compiles 3,499 classes, because a class the cache evicted
    * is compiled again when a later key needs it, and a key's time
    * depends on which keys ran before it. With 4,096 entries the same
    * run compiles 2,016, each once. */
  private val CodegenCacheEntries = 4096

  def builder(cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config(CheckpointManager, ManagerClass)

  /** Apply graft's runtime confs to a caller-built session.
    * [[SparkEntry.queries]] runs every query through this, so a
    * session not built by [[builder]] still reads events as UTC
    * instants (the NTZ→timestamp cast in `Tables` depends on it). */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    checkpoints(spark)
  }

  /** Commit `spark`'s streaming checkpoints through
    * [[graft.sources.CheckpointFiles]]; it reads the conf when a query
    * starts. */
  def checkpoints(spark: SparkSession): SparkSession = {
    spark.conf.set(CheckpointManager, ManagerClass)
    spark
  }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

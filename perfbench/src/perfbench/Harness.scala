package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark. `run.py` starts it once per run:
  *
  *   perfbench.Harness batch --data=DIR --out=DIR --seed=N --seconds=S
  *     --trace=0|1 --keys=k1,k2,... [--stores=s1,s2,...]
  *     [--x10=DIR --x10-keys=k1,k2,...]
  *   perfbench.Harness live  ... (see [[Live]])
  *
  * It drives the engine only through its public entry points
  * (`SparkEntry.queries`, `SparkEntry.oracleSql`,
  * `LlmData.storeBuilders`, `Tables`, `tools.Replicate`) and Spark's
  * listener APIs, and writes everything it measured to
  * `<out>/result.json` (plus `<out>/spans.jsonl` when traced). */
object Harness {
  def opts(args: Seq[String]): Map[String, String] =
    args.collect { case a if a.startsWith("--") && a.contains("=") =>
      val i = a.indexOf('='); a.substring(2, i) -> a.substring(i + 1)
    }.toMap

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The same session shape graft's own bench builds. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val o = opts(args.toSeq.drop(1))
    args.headOption match {
      case Some("batch") => Batch.run(o)
      case Some("live") => Live.run(o)
      case other => sys.error(s"unknown mode $other")
    }
    sys.exit(0)
  }

  /** Listener set for a traced stretch of work; `close` unregisters.
    * A streaming query plans on a clone of its session, so the live
    * workload registers `plans` itself, before the stream starts. */
  final class Tracing(spark: SparkSession, val spans: Option[Spans],
                      val plans: PlanListener, registered: Boolean = false) {
    val engine = new EngineListener(spans)
    spark.sparkContext.addSparkListener(engine)
    if (!registered) spark.listenerManager.register(plans)
    def on(b: Boolean): Unit = { engine.enabled = b; plans.enabled = b }
    def sync(): Unit = engine.sync(spark)
    def close(): Unit = {
      sync()
      spark.sparkContext.removeSparkListener(engine)
      spark.listenerManager.unregister(plans)
    }
  }

  def writeResult(out: String, fields: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(out, "result.json"), Json.obj(fields))

  def numMap(m: Iterable[(String, Double)]): String =
    Json.obj(m.map { case (k, v) => k -> Json.num(v) })
}

object Batch {
  import Harness._
  val MinPasses = 3
  /** Set-ups per run; `setup_s` is their median, so neither the cold
    * first one nor one disturbed one sets it. A batch set-up touches
    * every table (about 2 s warm), so one fewer than [[Live]]'s, to fit
    * the run budget. */
  val SetupRepeats = 4

  /** Build `data` as a 10× replica of `base` with the engine's own
    * `tools.Replicate` key-space shifts: the three relational facts
    * replicate, every other table links to the base copy. */
  def replicate(spark: SparkSession, base: String, data: String, n: Int): Unit = {
    import graft.tools.Replicate
    val facts = Seq[(String, (DataFrame, Int) => DataFrame)](
      "lineitem" -> Replicate.lineitem, "orders" -> Replicate.orders,
      "events" -> Replicate.events)
    Files.createDirectories(Paths.get(data))
    facts.foreach { case (t, f) =>
      val src = spark.read.parquet(s"$base/$t.parquet")
      (0 until n).map(i => f(src, i)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$data/$t.parquet")
    }
    graft.sources.Tables.names.filterNot(t => facts.exists(_._1 == t)).foreach { t =>
      val link = Paths.get(s"$data/$t.parquet").toAbsolutePath
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link,
        link.getParent.relativize(Paths.get(s"$base/$t.parquet").toAbsolutePath))
    }
    Files.writeString(Paths.get(s"$data/_READY"), n.toString)
  }

  def run(o: Map[String, String]): Unit = {
    val data = o("data"); val out = o("out")
    val seed = o("seed").toLong; val seconds = o("seconds").toDouble
    val traced = o.get("trace").contains("1")
    def list(k: String): Seq[String] = o.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
    // each key runs on the base tables or on their 10x replica
    val dirOf = (list("keys").map(_ -> data) ++
      o.get("x10").toSeq.flatMap(x => list("x10-keys").map(_ -> x))).toMap
    val keys = list("keys") ++ list("x10-keys")
    Files.createDirectories(Paths.get(out))
    val queries = graft.SparkEntry.queries
    val missing = keys.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown keys: $missing")

    o.get("x10").foreach { x10 =>
      if (!Files.exists(Paths.get(s"$x10/_READY"))) {
        val s = session(); replicate(s, data, x10, 10); stop(s)
      }
    }

    // set-up, several times: session + warm-up (every base table touched,
    // as graft's Bench does; the verification pass below warms the keys)
    val setups = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 0 until SetupRepeats) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session()
      graft.sources.Tables.names.foreach(t =>
        graft.sources.Tables(spark, data, t).limit(1).count())
      setups += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    Heap.sample()

    val spans = if (traced) Some(new Spans) else None
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    def fail(k: String, t: Throwable): Unit = {
      failed.getOrElseUpdate(k, s"${t.getClass.getName}: ${t.getMessage}".take(300))
      System.err.println(s"[perfbench] FAIL $k: $t")
    }
    val tracing = spans.map(s => new Tracing(spark, Some(s), new PlanListener(Some(s))))
    tracing.foreach(_.on(true))

    // cold store builds: each timed on its own
    val storeTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    val storeNames = list("stores")
    if (storeNames.nonEmpty) {
      val builders = graft.queries.LlmData.storeBuilders
      val t0 = Clock.now()
      storeNames.sorted.foreach { name =>
        val fn = builders(name)
        Current.group = name; sc.setJobGroup(name, name)
        val a = Clock.now()
        try fn(spark, data) catch { case t: Throwable => fail(name, t) }
        val b = Clock.now()
        tracing.foreach(_.sync())
        storeTimes(name) = (b - a) / 1e3
        spans.foreach(_.add(Span(name, storeLayer(name), a, b, name, 1)))
      }
      spans.foreach(_.add(Span("stores", "bench", t0, Clock.now(), "", 0)))
      Heap.sample()
    }
    val storeCounters = tracing.map(_.engine.counters).getOrElse(Nil)
    tracing.foreach(_.on(false))

    // verification pass (untimed, and the JIT warm-up of the timed
    // passes): every output to parquet for the DuckDB oracle check, and
    // the final-plan shape of each key
    val shapes = scala.collection.mutable.LinkedHashMap[String, Map[String, Long]]()
    val check = new Tracing(spark, None, new PlanListener(None))
    check.on(true)
    keys.foreach { k =>
      Current.group = k; sc.setJobGroup(k, k)
      try {
        queries(k)(spark, dirOf(k)).write.mode("overwrite").parquet(s"$out/verify/$k")
        check.sync()
        shapes(k) = check.plans.lastShape
      } catch { case t: Throwable => fail(k, t) }
    }
    check.close()
    sc.clearJobGroup()
    tracing.foreach(_.engine.reset())

    // timed passes, each in a seeded key order; a traced run traces
    // every other pass so the tracing overhead can be reported
    val passes = ArrayBuffer[(Double, Boolean, Map[String, Double])]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    // at least MinPasses (a median over passes shrugs off one disturbed
    // pass), then more while the next should end by the deadline
    def fits: Boolean = System.nanoTime() + (passes.last._1 * 1e9).toLong <= deadline
    while (passes.size < MinPasses || fits) {
      val tracedPass = traced && p % 2 == 1
      tracing.foreach(_.on(tracedPass))
      val order = new scala.util.Random(seed * 7919 + p).shuffle(keys)
      val times = scala.collection.mutable.LinkedHashMap[String, Double]()
      val p0 = Clock.now()
      order.foreach { k =>
        Current.group = k; sc.setJobGroup(k, k)
        val a = Clock.now()
        var b = a
        try {
          val df = queries(k)(spark, dirOf(k))
          b = Clock.now()
          noop(df)
        } catch { case t: Throwable => fail(k, t) }
        val c = Clock.now()
        if (tracedPass) {
          tracing.foreach(_.sync())
          spans.foreach { s =>
            s.add(Span(k, "bench", a, c, k, 1))
            s.add(Span("construct", "queries.construct", a, b, k, 2))
            s.add(Span("noop write", "engine.driver", b, c, k, 2))
          }
        }
        times(k) = (c - a) / 1e3
      }
      val p1 = Clock.now()
      if (tracedPass) spans.foreach(_.add(Span(s"pass $p", "bench", p0, p1, "", 0)))
      passes += (((p1 - p0) / 1e3, tracedPass, times.toMap))
      p += 1
    }
    Heap.sample()
    val engineCounters = tracing.map(_.engine.counters).getOrElse(Nil)
    tracing.foreach(_.close())

    // read AFTER the keys ran: trained families interpolate this JVM's models
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    spans.foreach(_.writeJsonl(s"$out/spans.jsonl"))

    writeResult(out, Seq(
      "cpus" -> cpus.toString,
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "stores" -> numMap(storeTimes),
      "passes" -> Json.arr(passes.map { case (w, t, ks) =>
        Json.obj(Seq("wall_s" -> Json.num(w), "traced" -> t.toString, "keys" -> numMap(ks)))
      }),
      "failed" -> Json.obj(failed.map { case (k, v) => k -> Json.str(v) }),
      "shapes" -> Json.obj(shapes.map { case (k, m) => k -> Json.obj(m.map { case (a, b) => a -> b.toString }) }),
      "oracle" -> Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }),
      "engine" -> numMap(engineCounters),
      "engine_stores" -> numMap(storeCounters),
      "peak_heap_mb" -> Json.num(Heap.peakMb)))
    stop(spark)
  }

  def storeLayer(s: String): String =
    if (s.contains("minhash") || s.contains("overlap")) "operators.store.dedup"
    else if (s.contains("classifier")) "operators.store.classifier"
    else "operators.store.ann"
}

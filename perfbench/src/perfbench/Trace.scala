package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events and planning tracker use. `group` is
  * the job group (the key or trigger the benchmark set) or "" when the
  * span arrived untagged. `depth` orders nesting: 0 pass / store builds /
  * trigger, 1 key / store / trigger phase, 2 construct / noop write /
  * foreachBatch, 3-4 foreachBatch steps, 5 planning phase, 6 job,
  * 7 stage, 8 task. */
final case class Span(name: String, layer: String, start: Double, end: Double,
                      group: String, depth: Int, attrs: String = "")

/** In-memory span store; written out once, when the run ends. */
final class Spans {
  private val q = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = q.add(s)
  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    q.asScala.foreach { s =>
      sb.append(Json.obj(Seq("name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start" -> Json.num(s.start), "end" -> Json.num(s.end),
        "group" -> Json.str(s.group), "depth" -> s.depth.toString) ++
        (if (s.attrs.isEmpty) Nil else Seq("attrs" -> s.attrs)))).append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch millis with sub-millisecond resolution from the monotonic clock. */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** Structural counts of a final (post-AQE) physical plan. */
object PlanShape {
  val names: Seq[String] = Seq("scans", "exchanges", "reused_exchanges", "broadcasts", "window_nopart")

  private def walk(p: SparkPlan): Iterator[SparkPlan] = {
    val next: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil // its child is counted where it first ran
      case _ => p.children ++ p.subqueries
    }
    Iterator(p) ++ next.iterator.flatMap(walk)
  }

  def of(plan: SparkPlan): Map[String, Long] = {
    val nodes = walk(plan).toSeq
    Map(
      "scans" -> nodes.count {
        case _: FileSourceScanExec | _: BatchScanExec => true
        case _ => false
      },
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "reused_exchanges" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      "broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      "window_nopart" -> nodes.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }).map { case (k, v) => k -> v.toLong }
  }
}

/** Engine-side counters, summed over every task and job seen while
  * `enabled`. Tasks, stages and jobs also become spans when `spans`
  * is set (the traced run). */
final class EngineListener(spans: Option[Spans]) extends SparkListener {
  @volatile var enabled = false
  val jobs, stages, tasks = new AtomicLong()
  val runMs, cpuNs, gcMs, waitMs = new AtomicLong()
  val shuffleRead, shuffleWrite, spill, inputBytes, inputRows = new AtomicLong()
  val peakExecMem = new AtomicLong()
  val jobMs, untaggedJobMs = new AtomicLong()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  private val markers = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()
  private val markerJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  /** Block until every listener event posted before this call has been
    * delivered: run a one-task job tagged with a fresh marker group and
    * wait for its end event (one listener queue delivers in order). */
  def sync(spark: org.apache.spark.sql.SparkSession): Unit = {
    val id = "__sync_" + java.util.UUID.randomUUID().toString
    val latch = new java.util.concurrent.CountDownLatch(1)
    markers.put(id, latch)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(id, id)
    try sc.parallelize(Seq(1), 1).count()
    finally if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
    latch.await(10, java.util.concurrent.TimeUnit.SECONDS)
    markers.remove(id)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    if (g.startsWith("__sync_")) markerJobs.put(e.jobId, g)
    else jobStart.put(e.jobId, (e.time.toDouble, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(markerJobs.remove(e.jobId)) match {
      case Some(g) => Option(markers.get(g)).foreach(_.countDown())
      case None => Option(jobStart.remove(e.jobId)).foreach { case (t0, g) =>
        if (enabled) {
          jobs.incrementAndGet()
          val ms = (e.time - t0).toLong
          jobMs.addAndGet(ms)
          if (g.isEmpty) untaggedJobMs.addAndGet(ms)
          spans.foreach(_.add(Span(s"job ${e.jobId}", "engine.exec", t0, e.time.toDouble, g, 6)))
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    stages.incrementAndGet()
    val i = e.stageInfo
    for (s <- spans; a <- i.submissionTime; b <- i.completionTime)
      s.add(Span(s"stage ${i.stageId}", "engine.stage", a.toDouble, b.toDouble, "", 7,
        Json.obj(Seq("tasks" -> i.numTasks.toString))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    val ti = e.taskInfo
    runMs.addAndGet(m.executorRunTime)
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    waitMs.addAndGet(math.max(0L, ti.duration - m.executorRunTime))
    shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spill.addAndGet(m.diskBytesSpilled)
    inputBytes.addAndGet(m.inputMetrics.bytesRead)
    inputRows.addAndGet(m.inputMetrics.recordsRead)
    peakExecMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
    spans.foreach(_.add(Span(s"task ${ti.taskId}", "engine.task", ti.launchTime.toDouble,
      ti.finishTime.toDouble, "", 8, Json.obj(Seq("stage" -> e.stageId.toString)))))
  }

  def counters: Seq[(String, Double)] = Seq(
    "engine.jobs" -> jobs.get.toDouble,
    "engine.stages" -> stages.get.toDouble,
    "engine.tasks" -> tasks.get.toDouble,
    "engine.task_run_s" -> runMs.get / 1e3,
    "engine.task_cpu_s" -> cpuNs.get / 1e9,
    "engine.task_gc_share" -> (if (runMs.get == 0) 0.0 else gcMs.get.toDouble / runMs.get),
    "engine.task_wait_s" -> waitMs.get / 1e3,
    "engine.shuffle_read_mb" -> shuffleRead.get / 1048576.0,
    "engine.shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
    "engine.spill_mb" -> spill.get / 1048576.0,
    "engine.peak_exec_mem_mb" -> peakExecMem.get / 1048576.0,
    "sources.scan_mb" -> inputBytes.get / 1048576.0,
    "sources.scan_rows" -> inputRows.get.toDouble,
    "engine.untagged_job_share" ->
      (if (jobMs.get == 0) 0.0 else untaggedJobMs.get.toDouble / jobMs.get))

  def reset(): Unit = Seq(jobs, stages, tasks, runMs, cpuNs, gcMs, waitMs,
    shuffleRead, shuffleWrite, spill, inputBytes, inputRows, peakExecMem, jobMs,
    untaggedJobMs).foreach(_.set(0L))
}

/** Planning phases (from each query's QueryPlanningTracker) as spans,
  * plus the final-plan shape of the last query that ran. */
final class PlanListener(spans: Option[Spans]) extends QueryExecutionListener {
  @volatile var enabled = false
  @volatile var lastShape: Map[String, Long] = Map.empty
  private def record(qe: QueryExecution): Unit = if (enabled) {
    lastShape = PlanShape.of(qe.executedPlan)
    spans.foreach { s =>
      val group = Current.group
      val layer = Map("analysis" -> "engine.analyze", "optimization" -> "engine.optimize",
        "planning" -> "engine.plan")
      qe.tracker.phases.foreach { case (phase, p) =>
        layer.get(phase).foreach(l =>
          s.add(Span(phase, l, p.startTimeMs.toDouble, p.endTimeMs.toDouble, group, 5)))
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** The key or phase the harness is running; listener callbacks arrive
  * on the listener thread, where job-group properties are not visible. */
object Current {
  @volatile var group: String = ""
}

/** Heap in use right after a full collection, sampled at the points
  * the workload calls `sample()`; `peakMb` is the highest sample. */
object Heap {
  private var peak = 0L
  def sample(): Double = {
    // the first collection enqueues dead broadcasts and shuffles for
    // Spark's ContextCleaner, which frees their blocks on its own thread;
    // the second, after a pause, no longer sees them
    System.gc()
    Thread.sleep(250)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = math.max(peak, used)
    used / 1048576.0
  }
  def peakMb: Double = peak / 1048576.0
}

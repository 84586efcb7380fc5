package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Prints formatted plans for representative queries and greps the
  * scale-relevant facts: PushedFilters reaching the scan, pruned
  * ReadSchema, broadcast joins on dims, WholeStageCodegen spans.
  * Each frame is executed through a noop write first, so the printed
  * plan is AQE's FINAL one (isFinalPlan=true) — ReusedExchange and
  * coalesced reads only appear there, never in the static plan.
  *   sbt "runMain graft.tools.ExplainAudit [sfDir] [name...]"
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q3_shipping_priority", "q6_revenue_delta", "q5_local_supplier",
        "p_sessionize", "d_minhash_lsh", "s_cosine_topk",
        "t_repetition", "d_substr_dup", "t_filter_chain", "d_semdedup",
        "p_scd2", "p_salted_agg", "d_bloom_contam", "t_zipf")
    val spark = graft.GraftSession.get()
    // the noop write runs on its own QueryExecution; the listener
    // hands it back (parquet staging writes inside a query are V1
    // commands, so only the noop write matches)
    val written = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) written.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = graft.SparkEntry.queries(n)(spark, sf)
      written.clear()
      df.write.format("noop").mode("overwrite").save()
      val qe = written.poll(60, TimeUnit.SECONDS)
      require(qe != null, s"$n: no noop-write plan reached the listener")
      val plan = qe.explainString(FormattedMode)
      println(plan)
      val facts = plan.linesIterator.filter(l =>
        l.contains("PushedFilters") || l.contains("ReadSchema") ||
        l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("WholeStageCodegen")).toSeq
      println(s"---- facts: ${facts.size} lines")
    }
    spark.stop()
  }
}

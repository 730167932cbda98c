package graft.plans

import graft.SparkEntry
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** Dumps `explain("formatted")` output for representative queries to
  * PLANS.md — the audit trail for the scale properties PlanSuite
  * asserts. Each pick shows two plans: the one planned before
  * execution (under AQE, `isFinalPlan=false`) and the final adaptive
  * plan tree of one write through the `noop` sink, which carries the
  * choices AQE made at run time from the sizes of finished stages.
  * Run: sbt "runMain graft.plans.PlanDump [sfDir] [outFile]".
  */
object PlanDump {
  private val picks = Seq(
    "scan_project", "filter_pred", "join_broadcast", "join_5way_q5",
    "agg_q1_pricing", "topk_limit", "win_topk_per_group", "ev_session",
    "llm_near_dedup", "llm_knn_cosine", "llm_ann_lsh", "llm_ann_ivf",
    "llm_ngram_jaccard", "llm_ngram_jaccard_sampled",
    "join_range_bucket", "llm_dedup_components",
    "llm_stratified_sample", "llm_tfidf", "ev_gap_fill",
    "join_salted_skew", "topk_offset",
    "llm_simhash_neardup", "llm_ann_ivf_topk",
    "llm_ngram_counts", "agg_corr",
    "join_dpp_prune", "join_null_aware_anti", "win_ewma",
    "ev_zscore_outlier", "ev_next_pattern", "agg_countmin",
    "join_interval_overlap", "ev_scd2", "llm_ann_pq",
    "ev_markov_transition", "ev_rolling_wau", "llm_pmi_bigrams",
    "graph_triangles", "graph_pagerank", "agg_heavy_hitters",
    "ev_peak_concurrency", "llm_e2e_curation", "fn_json",
    "join_left", "fn_hash")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = graft.Bench.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val written = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = written.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val formatted = ExplainMode.fromString("formatted")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (generated by graft.plans.PlanDump)\n\n")
    sb.append(s"Source: `$sfDir`. Regenerate: `sbt \"runMain graft.plans.PlanDump\"`.\n")
    sb.append("Per query: the formatted plan before execution, then the final " +
      "adaptive plan tree of one `noop` write.\n")
    picks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(formatted)
      written.clear()
      df.write.format("noop").mode("overwrite").save()
      val run = Option(written.poll(60, TimeUnit.SECONDS))
        .getOrElse(sys.error(s"$name: no executed plan reported for the noop write"))
      sb.append(s"\n## $name\n\n```\n$txt```\n")
      val fin = run.executedPlan.collectFirst { case a: AdaptiveSparkPlanExec => a.executedPlan }
        .getOrElse(run.executedPlan)
      sb.append(s"\nFinal adaptive plan of the noop write:\n\n```\n${fin.treeString}```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}

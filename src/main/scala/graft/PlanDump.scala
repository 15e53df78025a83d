package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool beside [[Verify]]/[[Bench]]: print `explain("formatted")` for
  * the named registered queries (all headline queries if none named) — the
  * plan-review loop's raw material; PLANS.md captures the reviewed output.
  */
object PlanDump {
  val headline: Seq[String] = Seq(
    "kpi_consolidated", "kpi_revenue_by_nation", "dedup_minhash_pairs",
    "graph_pagerank", "search_bm25_topk", "sim_topk_ivf_sq8",
    "sample_token_budget", "graph_triangles_per_node",
    "search_hybrid_rrf", "sim_knn_graph",
    "search_phrase_match", "events_stickiness", "graph_modularity",
    "dedup_lsh_recall")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq else headline
    val spark = Session.start(fixtureDir = Some(sfDir), logLevel = "ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted")))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

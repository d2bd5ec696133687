package graft

/** Plan auditor: prints the formatted physical plan of selected queries so
  * pushdown/pruning/broadcast/codegen can be inspected (`sbt "runMain
  * graft.Explain q_agg_group q_join_multi"`; no args = a headline set).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Engine.session()
    val names =
      if (args.nonEmpty) args.toSeq
      // q_dedup_cc is excluded from the default set: its builder runs
      // the iterative label-propagation loop eagerly, so a no-args
      // Explain would execute real jobs; pass it explicitly to audit
      // the per-round plan.
      else Seq("q_agg_group", "q_scan_project", "q_join_broadcast",
        "q_join_multi", "q_topk", "q_sim_topk",
        "q_dedup_simhash", "q_cluster_assign", "q_join_lateral",
        "q_tfidf", "q_merge_upsert", "q_resample", "q_embed_quant",
        "q_sessionize", "q_funnel", "q_decontam", "q_bm25")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      Registry.all(n).fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

package graft

import graft.queries.Registry

/** Plan inspector: prints the formatted physical plan for the given
  * queries (default: a representative set), for verifying pushdown,
  * broadcast choices, and WholeStageCodegen coverage.
  *
  * Usage: runMain graft.Explain [sfDir] [query names...] (env: `Graft.localSession`)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_scan_project", "q02_filter_agg", "q06_broadcast_join",
        "q07_join_topk", "q18_topk", "qx3_cosine_topk",
        "xp1_curation", "xt5_tfidf", "xs3_ann_quantized",
        "xc1_stratified_sample", "xc3_decontam", "xd6_incremental_dedup",
        "xp2_curation_full", "q11b_binned_range_join", "q16b_range_frames",
        "xt6_lm_score", "xd7_semantic_dedup", "xi1_incremental_agg",
        "xd9_edit_distance", "xi2_incremental_quantiles", "xt8_top_terms_sketch",
        "q08b_full_outer", "q40_sql_tpch5")
    val spark = Graft.localSession()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      Registry.byName(n).fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

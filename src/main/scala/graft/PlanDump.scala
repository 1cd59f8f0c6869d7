package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: formatted physical plans for the headline queries,
  * as evidence of scan pruning / broadcast placement / codegen shape.
  * Regenerate with: sbt "runMain graft.PlanDump"
  * With an op list (`sbt "runMain graft.PlanDump op1,op2,..."`) it
  * prints the same `## <op>` sections for just those ops to stdout —
  * the before/after plan evidence of an optimization. */
object PlanDump {
  /** The `## <op>` section: the op's formatted plan with the full
    * operator tree (`spark.graft.explainFull`), where ops would otherwise
    * checkpoint before their final sort and the checkpoint scan hides
    * the join/pruning evidence. */
  private def section(spark: SparkSession, dir: String, n: String): String = {
    spark.conf.set("spark.graft.explainFull", "true")
    var note = ""
    val t0 = System.nanoTime()
    var plan = Registry.queries(n)(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    System.err.println(f"[plandump] $n ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"(${plan.length} chars)")
    // unrolled-round ops (MMR's greedy loop) re-derive every earlier
    // round combinatorially in the PRINTED tree (~2^K copies, 38k
    // lines for retrieval_mmr_rerank) even though execution memoizes
    // each round once — past the budget, dump the EXECUTED shape
    // (per-round checkpoints visible) instead of the unreadable tree
    if (plan.length > 500000) {
      spark.conf.set("spark.graft.explainFull", "false")
      plan = Registry.queries(n)(spark, dir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      note = "_Full tree exceeds the dump budget (unrolled rounds " +
        "multiply in print, not in execution); shown as executed, " +
        "with per-round checkpoint scans._\n\n"
    }
    s"\n## $n\n\n$note```\n$plan```\n"
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = "/root/testdata/sf0.001"
    try args.headOption match {
      case Some(list) => list.split(",").foreach(n => print(section(spark, dir, n)))
      case None => writePlansMd(spark, dir)
    } finally spark.stop()
  }

  private def writePlansMd(spark: SparkSession, dir: String): Unit = {
    val names = Seq(
      "q1_partition_counts", "q2_vwap_minute", "q5_whale", "q8_pruned_count",
      "q14_correlation_matrix", "q15_quantiles", "etl_incremental",
      "r1_pricing_summary", "r2_top_customers", "r3_revenue_by_region",
      "r6_asof_join", "r9_scalar_subquery", "r14_range_join", "r16_nation_flow",
      "r18_problem_suppliers", "r19_heavy_suppliers", "r20_custdist",
      "r21_big_orders", "r22_idle_rich",
      "dedup_ngram_jaccard", "dedup_minhash", "dedup_simhash",
      "ann_bruteforce_topk", "ann_ivf_topk",
      "s1_window_candles", "text_heavy_hitters",
      "text_contamination", "corpus_mix_sample", "doc_chunking", "corpus_shuffle",
      "r23_small_qty_revenue", "token_pack", "embedding_quantize",
      "contrastive_pairs", "mm_feature_extract", "corpus_filter_pipeline",
      "r26_forecast_revenue", "r27_returned_items", "r31_bloom_prune",
      "r32_catalog_stats", "ann_pq_topk", "ann_ivfpq_topk", "ann_opq_topk", "pack_attention_mask",
      "text_pii_redact", "text_rarity_score", "text_bm25_topk",
      "q19_funnel", "q20_retention", "q21_anomaly",
      "dedup_semantic", "dedup_substring_spans", "dedup_substring_rewrite",
      "text_keyword_extract", "mm_phash_neardup", "ann_knn_graph",
      "graph_pagerank", "q22_bollinger", "mm_scene_cut",
      "ann_knn_multiprobe", "ann_knn_hotsplit", "ann_knn_hotprobe",
      "q23_kmv_distinct", "q24_twap",
      "corpus_split_leakfree", "corpus_dsir_weights",
      "q25_tdigest_quantiles", "dedup_keep_best",
      "q16_quantiles_sketch", "q17_distinct_sketch",
      "etl_normalize_klines", "etl_normalize_aggtrades",
      "etl_skipping_scan", "dedup_gate", "dedup_containment", "mm_resize",
      "retrieval_rrf", "corpus_quality_classifier",
      "text_collocations", "dedup_editdist", "ann_range_search",
      "ann_filtered_search", "embedding_pca", "mm_audio_vad",
      "dedup_paragraph", "dedup_paragraph_rewrite",
      "ann_binary_topk", "embedding_outliers", "corpus_cluster_topics",
      "embedding_matryoshka", "mm_audio_snr", "mm_image_stats",
      "ann_adaptive_topk",
      "dedup_allpairs", "corpus_doremi_mix", "retrieval_mmr_rerank",
      "ann_scann_topk", "embedding_whitening", "dedup_gate_exact",
      "tokenizer_unigram_train", "tokenizer_unigram_apply",
      "tokenizer_unigram_prune",
      "tokenizer_wordpiece_train", "tokenizer_wordpiece_apply",
      "tokenizer_fertility_report",
      "dedup_gate_substring", "text_decontaminate_rewrite")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.PlanDump at sf0.001)\n\n")
    sb.append("What to look for: `PushedFilters`/`ReadSchema` on every scan\n")
    sb.append("(pruning), `BroadcastHashJoin` on dimension joins, `*(n)` \n")
    sb.append("whole-stage-codegen spans, and the absence of avoidable\n")
    sb.append("Exchanges. PlanSpec asserts the load-bearing properties.\n\n")
    sb.append("Every remaining `Scan ExistingRDD` leaf is one of two\n")
    sb.append("justified classes (r17 — build caches and one-shot build\n")
    sb.append("materializations are conf-aware and show real roots now):\n")
    sb.append("1. print-budget fallbacks — ops whose FULL tree exceeds the\n")
    sb.append("   500k-char dump budget (the `_Full tree exceeds..._` note\n")
    sb.append("   marks each) are re-dumped as executed, with per-round\n")
    sb.append("   checkpoint scans visible;\n")
    sb.append("2. analyzer-budget chains — the unrolled-DP iterates that\n")
    sb.append("   MUST stay cut even for a plan dump: uniViterbi's rounds\n")
    sb.append("   (round j joins rounds j-1..j-4 — tetranacci tree growth,\n")
    sb.append("   the r15 OOM class) under the tokenizer_unigram_* ops, and\n")
    sb.append("   the d-row power-iteration/deflation iterates of\n")
    sb.append("   embedding_pca / embedding_whitening ((iters+1)^k analyzer\n")
    sb.append("   blow-up, measured as a PlanDump hang in r17). The corpus\n")
    sb.append("   scans and moment/cov derivations around them stay visible.\n")
    names.foreach(n => sb.append(section(spark, dir, n)))
    spark.conf.set("spark.graft.explainFull", "true")
    // the capped (hotprobe) edge build — NOT a registry query but the
    // DEFAULT bootstrap of the maintained graph lake (graphIndexInit),
    // so its plan is evidence the 100 TB path stays skew-bounded:
    // broadcast depth table, bounded probe explode, no corpus-sized
    // shuffle beyond the capped candidate join
    locally {
      val vn = operators.Similarity.withNorm2(Tables.embeddings(spark, dir))
      val plan = operators.Similarity.knnEdgesCappedOver(vn,
          operators.Similarity.derivedPlanes(spark, dir))
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append("\n## graph_index_bootstrap_capped " +
        "(graphIndexInit's default edge build; not a registry query)\n\n" +
        s"```\n$plan```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
  }
}
